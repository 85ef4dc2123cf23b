"""Measurement helpers: spans, process-tree memory, Spark progress
events and the Spark event log.

Spans are recorded from the benchmark's own code around the calls into
each layer (the sink's ``process_batch`` and DLQ step, the ingest
backend, each registry query) and kept in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))]


def union_ms(intervals) -> float:
    """Length in ms of the union of (start, end) intervals in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


class Spans:
    """In-memory span list: (name, start, end, attrs)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.items: list[tuple[str, float, float, dict]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            with self._lock:
                self.items.append((name, start, end, attrs))

    def named(self, name: str) -> list[tuple[float, float, dict]]:
        return [(s, e, a) for n, s, e, a in self.items if n == name]


def trace_sink(sink, spans: Spans) -> None:
    """Record an ``epoch`` span around each ``process_batch`` and a
    ``dlq`` span around each DLQ hand-off, by wrapping the bound methods
    on this sink instance (``attach`` reads ``self.process_batch``)."""
    process_batch, send_to_dlq = sink.process_batch, sink._send_to_dlq

    def traced_process_batch(df, epoch_id):
        with spans.span("epoch", epoch=epoch_id) as attrs:
            process_batch(df, epoch_id)
            attrs["dlq_total"] = sink.metrics.dlq_records_sent

    def traced_send_to_dlq(*args, **kwargs):
        with spans.span("dlq"):
            send_to_dlq(*args, **kwargs)

    sink.process_batch = traced_process_batch
    sink._send_to_dlq = traced_send_to_dlq


class TreeRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and its Python workers) from ``/proc``."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> dict[int, tuple[str, int]]:
        """{pid: (command, resident bytes)} of this process's tree."""
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # fields after the parenthesised command name: state, ppid, ...
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            for child in children.get(frontier.pop(), ()):
                tree.add(child)
                frontier.append(child)
        out = {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    out[pid] = (f.read().strip(), self._resident(pid))
            except OSError:
                continue
        return out

    def _resident(self, pid: int) -> int:
        """Proportional resident bytes (Pss) of ``pid``: a page shared
        by several processes of the tree, such as a forked Python
        worker's pages shared with its daemon or a JVM child between
        fork and exec, is counted once over them all. Resident bytes
        where the kernel has no ``smaps_rollup``."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except FileNotFoundError:
            pass
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * self._page

    def _run(self) -> None:
        while not self._stop.is_set():
            tree = self._tree()
            total = sum(rss for _, rss in tree.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_parts = {}
                for comm, rss in tree.values():
                    self.peak_parts[comm] = self.peak_parts.get(comm, 0) + rss
            self._stop.wait(self._interval)

    def start(self) -> "TreeRss":
        self._thread.start()
        return self

    def parts_mb(self) -> dict[str, float]:
        """Resident MB per command name at the peak."""
        return {c: round(b / (1024 * 1024), 1) for c, b in self.peak_parts.items()}

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / (1024 * 1024)


def progress_durations(progress: list[dict], key: str) -> list[float]:
    """``durationMs[key]`` of every progress event that read rows."""
    return [
        p["durationMs"].get(key, 0)
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]


def engine_metrics(progress: list[dict]) -> dict:
    """Per-batch medians of the engine's own progress durations."""
    out = {}
    for metric, key in (
        ("source.latest_offset_ms", "latestOffset"),
        ("source.get_batch_ms", "getBatch"),
        ("engine.query_planning_ms", "queryPlanning"),
        ("engine.wal_commit_ms", "walCommit"),
        ("engine.add_batch_ms", "addBatch"),
        ("engine.commit_offsets_ms", "commitOffsets"),
        ("engine.trigger_ms", "triggerExecution"),
    ):
        vals = progress_durations(progress, key)
        out[metric] = statistics.median(vals) if vals else 0.0
    rows = [p["numInputRows"] for p in progress if p.get("numInputRows", 0) > 0]
    out["source.rows_per_batch"] = statistics.median(rows) if rows else 0.0
    return out


# ----------------------------------------------------------- event log
def read_event_log(directory: str) -> list[dict]:
    """Events of the newest application log in ``directory``."""
    logs = [
        os.path.join(directory, n)
        for n in os.listdir(directory)
        if not n.startswith(".")
    ]
    if not logs:
        return []
    newest = max(logs, key=os.path.getmtime)
    events = []
    with open(newest, encoding="utf-8") as f:
        for line in f:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                continue  # a torn last line of an in-progress log
    return events


def _scopes(stage_info: dict) -> dict[str, str]:
    """Operator scopes of a stage's RDDs, as {scope id: operator name}."""
    scopes = {}
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Scope"):
            try:
                scope = json.loads(rdd["Scope"])
            except json.JSONDecodeError:
                continue
            scopes[scope.get("id", "")] = scope.get("name", "")
    return scopes


def stage_layer(stage: dict, dlq_spans) -> str:
    """Map a stage to a layer. Stages run from a foreachBatch callback
    carry no Python call site, so the map uses the stage's operators and
    the benchmark's own DLQ spans:

    - ``dlq``: submitted inside a DLQ hand-off;
    - ``stage_write``: runs the ``_stage_writer`` pandas UDF
      (``FlatMapGroupsInPandas``) after the file-assignment window;
    - ``staging_map``: scans the source and applies the tombstone and
      route filters and the encoders before the shuffle;
    - ``other``: anything else, such as registry query stages."""
    submit_s = stage["submit_ms"] / 1000.0
    if any(s <= submit_s <= e for s, e, _ in dlq_spans):
        return "dlq"
    if "FlatMapGroupsInPandas" in stage["ops"]:
        return "stage_write"
    if stage["scans"]:
        return "staging_map"
    return "other"


def summarize_event_log(events: list[dict]) -> dict:
    """Jobs and stages with their timing and task metrics.

    Returns {"jobs": {id: {submit_ms, end_ms, stages}},
    "stages": {id: {ops, scans, submit_ms, completed, run_ms, ...}}}.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "submit_ms": ev.get("Submission Time", 0),
                "end_ms": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _new_stage())
            scopes = _scopes(info)
            st["ops"] = set(scopes.values())
            # One source scan per distinct scan operator in the stage.
            st["scans"] = sum(1 for n in scopes.values() if n.startswith("Scan"))
            st["submit_ms"] = info.get("Submission Time", 0)
            st["completed"] = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _new_stage())
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            st["run_ms"].append(tm.get("Executor Run Time", 0))
            st["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "ops": set(), "scans": 0, "submit_ms": 0, "completed": False,
        "run_ms": [], "cpu_ms": 0.0, "gc_ms": 0, "shuffle_write": 0,
    }


def jobs_in(summary: dict, start_s: float, end_s: float) -> list[dict]:
    """Jobs submitted inside the wall interval [start_s, end_s]."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    return [j for j in summary["jobs"].values() if lo <= j["submit_ms"] <= hi]


def task_skew(run_ms: list[float]) -> float:
    """Slowest task over the median task of one stage."""
    if len(run_ms) < 2:
        return 1.0
    med = statistics.median(run_ms)
    return max(run_ms) / med if med > 0 else 1.0
