"""Tracing for the layer-by-layer run, kept outside the program.

- :class:`Tracer` records spans around the benchmark's calls into the
  program's public functions and tags every Spark job started inside
  a span with the span's id as its job group.
- :func:`parse_event_log` reads the Spark event log (enabled through
  ``get_spark(extra_conf=...)``) and sums task metrics per job group.
- :func:`stream_listener_class` builds a ``StreamingQueryListener``
  that keeps each microbatch's progress report.
- :class:`RssSampler` samples the resident set of a process tree from
  ``/proc``.

Spans and progress reports are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import ctypes
import glob
import json
import os
import threading
import time

# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, name, layer, parent, start, end, counts).

    Times are wall-clock seconds (``time.time``) so that they line up
    with the millisecond timestamps in the Spark event log.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **counts):
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent,
            "start": time.time(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], f"{layer}:{name}", False)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top["id"], f"{top['layer']}:{top['name']}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# -- event log -----------------------------------------------------------

JOB_STATS = (
    "jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "gc_ms", "executor_run_ms", "input_bytes",
    "output_bytes",
)


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: group, submit/complete time (s) and
    summed task metrics. Reads every event-log file under ``log_dir``
    (plain JSON lines; compression is switched off by the worker)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    task_rows: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "job": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "complete": None,
                        **{k: 0 for k in JOB_STATS},
                    }
                    jobs[jid]["jobs"] = 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["complete"] = (
                            ev.get("Completion Time", 0) / 1000.0
                        )
                elif kind == "SparkListenerTaskEnd":
                    task_rows.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))
    for sid, m in task_rows:
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        job["tasks"] += 1
        job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        job["gc_ms"] += m.get("JVM GC Time", 0)
        job["executor_run_ms"] += m.get("Executor Run Time", 0)
        job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute_jobs(spans: list[dict], jobs: list[dict], stream_groups: dict) -> None:
    """Add per-span job statistics (inclusive of child spans).

    A job belongs to the span whose id is its job group. Jobs of a
    streaming query carry the query's run id as their group; those are
    mapped through ``stream_groups`` (run id → span id). Any job left
    over (no group, or a group the benchmark did not set) goes to the
    innermost span whose interval holds its submission time.
    ``driver_gap_s`` is the span's wall time not covered by any of
    its jobs.
    """
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["stats"] = {k: 0 for k in JOB_STATS}
        s["_iv"] = []
    for j in jobs:
        sid = j["group"] if j["group"] in by_id else stream_groups.get(j["group"])
        if sid is None:
            inside = [
                s for s in spans
                if s["end"] is not None and s["start"] <= j["submit"] <= s["end"]
            ]
            if not inside:
                continue
            sid = max(inside, key=lambda s: s["start"])["id"]
        # charge the job to its span and every enclosing span
        while sid is not None:
            s = by_id[sid]
            for k in JOB_STATS:
                s["stats"][k] += j[k]
            s["_iv"].append((j["submit"], j["complete"] or j["submit"]))
            sid = s["parent"]
    for s in spans:
        wall = (s["end"] or s["start"]) - s["start"]
        s["stats"]["wall_s"] = wall
        s["stats"]["driver_gap_s"] = max(0.0, wall - _covered(s["_iv"], s["start"], s["end"]))
        del s["_iv"]


def _covered(intervals, lo, hi) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- streaming progress ----------------------------------------------------


def stream_listener_class():
    """Build the listener class lazily: pyspark is only importable in
    the worker process, not in the benchmark's parent."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        """Keeps every microbatch progress report, keyed by run id."""

        def __init__(self):
            self.lock = threading.Lock()
            self.progress: dict[str, list[dict]] = {}
            self.started: dict[str, float] = {}
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = time.time()
                self.progress.setdefault(str(event.runId), [])

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.setdefault(p["runId"], []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def wait_terminated(self, run_ids, timeout: float = 10.0) -> None:
            """Listener events arrive asynchronously; wait until the
            termination of every given run id has been seen."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if set(run_ids) <= self.terminated:
                        return
                time.sleep(0.05)

    return StreamProgress


# -- resident set size ------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


# kcmp(2) tells whether two processes share one address space
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(os.uname().machine)
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)
_libc.syscall.restype = ctypes.c_long


def _shares_memory(a: int, b: int) -> bool:
    if _SYS_KCMP is None:
        return False
    return _libc.syscall(
        ctypes.c_long(_SYS_KCMP), ctypes.c_long(a), ctypes.c_long(b),
        ctypes.c_long(_KCMP_VM), ctypes.c_long(0), ctypes.c_long(0),
    ) == 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: the sum of
    their proportional set sizes, so a page that forked processes
    share counts once, and each address space counted once. The JVM
    starts its helper commands with vfork, and until the helper execs
    it shares the JVM's whole address space; summing it again would
    double the JVM."""
    total, todo, seen = 0, [(root, None)], set()
    while todo:
        pid, parent = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if parent is not None and _shares_memory(pid, parent):
            continue
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            continue
        todo += [(c, pid) for c in _children(pid)]
    return total


class RssSampler:
    """Background thread that keeps the peak tree RSS of one process."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
