"""Measurement primitives: spans with self time, the tail-percentile rule,
metric-name validation, peak resident memory of the process tree, Spark event-log
counters and per-hop streaming progress.

Spans are recorded only when a ``Tracer`` is enabled; a disabled tracer's
``span`` is a no-op context manager, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from datetime import datetime

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(samples, min_beyond: int = 10):
    """(p, value) for the highest p in 99.9/99/95/90/75/50 that leaves at
    least ``min_beyond`` samples above it, or None when even the median
    does not. The value is the nearest-rank percentile."""
    xs = sorted(samples)
    n = len(xs)
    for tenths in (999, 990, 950, 900, 750, 500):
        rank = max(1, -(-tenths * n // 1000))  # ceil(p/100 * n)
        if n - rank >= min_beyond:
            return tenths / 10, xs[rank - 1]
    return None


# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent index and
    run id. Nesting follows the calling thread's open spans."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(kids.get(i, []), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def per_op_layers(spans: list[dict], op: str) -> list[dict[str, float]]:
    """For every ``op`` span: the self seconds of its direct children,
    summed by child name."""
    selfs = self_times(spans)
    out = []
    for i, s in enumerate(spans):
        if s["name"] != op:
            continue
        per: dict[str, float] = {}
        for j, c in enumerate(spans):
            if c["parent"] == i:
                per[c["name"]] = per.get(c["name"], 0.0) + selfs[j]
        out.append(per)
    return out


# -- memory --------------------------------------------------------------------


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[tuple[str, int]]:
    """(command name, proportional set size in kB) of ``root`` and each of
    its descendants.

    Proportional set size counts a page shared by several processes (a
    forked Python worker and its parent) once in total. A child that still
    shares its parent's whole address space (between vfork and exec, when
    the JVM launches a program) reports the parent's memory as its own and
    is left out."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, int, tuple[str, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue
        fields = tail.split()
        ppid = int(fields[1])
        stats[int(d)] = (head.split("(", 1)[1], ppid, (fields[20], fields[21]))  # vsize rss
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p not in stats:
            continue
        name, ppid, vm = stats[p]
        if p != root and ppid in stats and vm == stats[ppid][2]:
            continue  # shares its parent's address space; exits or execs soon
        out.append((name, _pss_kb(p)))
        todo.extend(children.get(p, []))
    return out


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and Spark's Python workers), as proportional set
    sizes, in a background thread between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_kb = 0
        #: at the peak: command name -> [kB, processes]
        self.peak_by_name: dict[str, list[int]] = {}
        self._paused = False
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _sample(self) -> None:
        procs = _tree(os.getpid())
        kb = sum(r for _, r in procs)
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.peak_by_name = {}
            for name, r in procs:
                kb_n = self.peak_by_name.setdefault(name, [0, 0])
                kb_n[0] += r
                kb_n[1] += 1

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            if not self._paused:
                self._sample()
            self._stop.wait(interval)

    @contextlib.contextmanager
    def paused(self):
        """No samples inside the block (the benchmark's own oracle check)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def start(self) -> None:
        self._t.start()

    def stop(self) -> None:
        """Take a last sample and end sampling (a no-op once stopped)."""
        if self._t.is_alive():
            self._stop.set()
            self._t.join()
            self._sample()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


# -- Spark event log -----------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_tasks(log_dir: str) -> tuple[list[dict], list[float]]:
    """(tasks, job submission times) from the event log; times in epoch
    seconds."""
    tasks, jobs = [], []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "start": info["Launch Time"] / 1000.0,
                            "end": info["Finish Time"] / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "spill_b": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "shuffle_w_b": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                        }
                    )
                elif kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
    return tasks, jobs


def spark_counters(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Spark counters over the given wall-clock windows (the traced
    operations): jobs started and tasks launched inside a window, their
    run/CPU/GC time, shuffle write and spill, and the window time during
    which no task was running."""
    tasks, jobs = read_tasks(log_dir)

    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in windows)

    mine = [t for t in tasks if inside(t["start"])]
    idle = sum(
        (hi - lo) - covered([(t["start"], t["end"]) for t in mine], lo, hi)
        for lo, hi in windows
    )
    n_jobs = sum(1 for t in jobs if inside(t))
    return {
        "spark.jobs": n_jobs,
        "spark.tasks": len(mine),
        "spark.task_run_s": sum(t["run_s"] for t in mine),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in mine),
        "spark.gc_s": sum(t["gc_s"] for t in mine),
        "spark.shuffle_write_mb": sum(t["shuffle_w_b"] for t in mine) / 1e6,
        "spark.spill_mb": sum(t["spill_b"] for t in mine) / 1e6,
        "spark.idle_s": idle,
        "spark.jobs_per_query": n_jobs / max(1, len(windows)),
    }


# -- streaming progress --------------------------------------------------------

HOPS = ("resolve", "rekey", "entity", "sink")
_SINK_HOP = {"resolved": "resolve", "rekeyed": "rekey", "changes": "entity"}


def _hop_of(sink_description: str) -> str | None:
    if "ForeachBatchSink" in sink_description:
        return "sink"
    m = re.search(r"([A-Za-z_]+)\]?\s*$", sink_description.rstrip("]"))
    return _SINK_HOP.get(m.group(1)) if m else None


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_listener():
    """A StreamingQueryListener that keeps every query's start time and
    progress events in memory, keyed by hop."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: dict[str, float] = {}
            self.progress: list[dict] = []
            self.terminated = 0
            self._cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self._cv:
                self.started[str(event.runId)] = _epoch(event.timestamp)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            hop = _hop_of(p.sink.description)
            state = p.stateOperators or []
            with self._cv:
                self.progress.append(
                    {
                        "hop": hop,
                        "run": str(p.runId),
                        "ts": _epoch(p.timestamp),
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in state),
                        "state_bytes": sum(s.memoryUsedBytes for s in state),
                    }
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def wait_idle(self, timeout: float = 10.0) -> None:
            """Block until every started query has reported termination."""
            with self._cv:
                self._cv.wait_for(
                    lambda: self.terminated >= len(self.started), timeout
                )

    return Listener()


def hop_metrics(progress: list[dict], started: dict[str, float]) -> dict:
    out: dict[str, float] = {}
    for hop in HOPS:
        ev = [p for p in progress if p["hop"] == hop]
        runs: dict[str, list[dict]] = {}
        for p in ev:
            runs.setdefault(p["run"], []).append(p)
        busy = [p for p in ev if p["rows"] > 0]
        last = max(ev, key=lambda p: p["ts"]) if ev else None
        out[f"streaming.{hop}.drain_s"] = (
            sum(p["ms"].get("triggerExecution", 0) for p in ev) / 1000.0
        )
        out[f"streaming.{hop}.add_batch_ms"] = median(
            [p["ms"].get("addBatch", 0) for p in busy]
        )
        out[f"streaming.{hop}.batches"] = len(busy)
        out[f"streaming.{hop}.rows_in"] = sum(p["rows"] for p in ev)
        out[f"streaming.{hop}.start_s"] = median(
            [
                min(p["ts"] for p in ps) - started[r]
                for r, ps in runs.items()
                if r in started
            ]
        )
        out[f"streaming.{hop}.commit_ms"] = median(
            [p["ms"].get("walCommit", 0) + p["ms"].get("commitOffsets", 0) for p in busy]
        )
        out[f"streaming.{hop}.state_rows"] = last["state_rows"] if last else 0
        out[f"streaming.{hop}.state_mb"] = last["state_bytes"] / 1e6 if last else 0.0
    return out
