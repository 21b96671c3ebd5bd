"""Spans, Spark event-log counters and process-tree RSS for the benchmark.

Spans are recorded around calls into the program's layers and kept in
memory; they are written out once, when the run ends. Engine counters
come from Spark's own event log (uncompressed JSON lines, read with the
stdlib): every job is attributed to the innermost span whose time
window contains the job's submission time, so jobs submitted from the
writer threads that ``materialize_graph``/``finalize_graph`` start are
still counted against the span that called them.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

@dataclass
class Span:
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with the event log's epoch ms
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside
    another records it as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1].name if self._stack else None, time.time())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def get(self, name: str) -> Span:
        for s in self.spans:
            if s.name == name:
                return s
        raise KeyError(name)

    def tree(self) -> list[str]:
        """Indented ``name  seconds`` lines in start order."""
        depth: dict[str, int] = {}
        lines = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = depth.get(s.parent, -1) + 1 if s.parent else 0
            depth[s.name] = d
            lines.append(f"{'  ' * d}{s.name}  {s.seconds:.3f}s")
        return lines

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh, indent=1)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks_by_stage) from the single uncompressed event log in
    ``log_dir``. jobs: [{"submitted": epoch s, "stages": [...]}]."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: list[dict] = []
    tasks: dict[int, list[dict]] = {}
    wanted = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            if not line.startswith(wanted):  # skip plan/SQL events unparsed
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append({"submitted": ev["Submission Time"] / 1000.0,
                             "stages": ev["Stage IDs"]})
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                })
    return jobs, tasks


def attribute_jobs(spans: list[Span], jobs: list[dict], tasks: dict[int, list[dict]]) -> dict[str, dict[str, float]]:
    """Engine counters per layer: each job goes to the innermost span
    (shortest window) containing its submission; a layer sums its spans.
    task_skew is max/median task time of the layer's heaviest stage."""
    per_layer: dict[str, dict] = {}
    for job in jobs:
        owners = [s for s in spans if s.start <= job["submitted"] <= s.end]
        if not owners:
            continue
        owner = min(owners, key=lambda s: s.seconds)
        acc = per_layer.setdefault(owner.layer, {"jobs": 0, "stages": []})
        acc["jobs"] += 1
        acc["stages"].extend(job["stages"])
    out: dict[str, dict[str, float]] = {}
    for layer, acc in per_layer.items():
        stage_tasks = [tasks.get(sid, []) for sid in acc["stages"]]
        flat = [t for ts in stage_tasks for t in ts]
        heaviest = max(stage_tasks, key=lambda ts: sum(t["wall_s"] for t in ts), default=[])
        times = [t["wall_s"] for t in heaviest]
        med = statistics.median(times) if times else 0.0
        out[layer] = {
            "jobs": acc["jobs"],
            "tasks": len(flat),
            "task_s": sum(t["run_s"] for t in flat),
            "gc_s": sum(t["gc_s"] for t in flat),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in flat),
            "spill_bytes": sum(t["spill"] for t in flat),
            "task_skew": max(times) / med if med > 0 else 1.0,
        }
    return out


# ------------------------------------------------------------ memory

def _processes() -> tuple[dict[int, list[int]], dict[int, str]]:
    """(children by parent pid, command name by pid) from /proc."""
    kids: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        names[int(entry)] = head.split("(", 1)[1]
        kids.setdefault(int(tail.split()[1]), []).append(int(entry))
    return kids, names


RSS_INTERVAL_S = 0.1


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples RSS every ``RSS_INTERVAL_S`` seconds while active and keeps
    two maxima: ``python_mib``, the summed RSS of this process and the
    Python workers below the Spark driver JVM (``jvm_pid``), and
    ``jvm_mib``, the JVM's own. Other descendants are left out: a child
    the JVM forks to run a command shows the JVM's whole RSS until it
    execs, which would count the heap twice."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.python_peak = self.jvm_peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _python_pids(self) -> list[int]:
        kids, names = _processes()
        me = os.getpid()
        pids, todo = [], [me]
        while todo:
            pid = todo.pop()
            if pid == me or names.get(pid, "").startswith("python"):
                pids.append(pid)
            todo.extend(kids.get(pid, []))
        return pids

    def _run(self) -> None:
        pids, refreshed = self._python_pids(), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - refreshed > 1.0:
                pids, refreshed = self._python_pids(), time.monotonic()
            self.python_peak = max(self.python_peak, sum(_rss_bytes(p) for p in pids))
            self.jvm_peak = max(self.jvm_peak, _rss_bytes(self.jvm_pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> PeakRss:
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def python_mib(self) -> float:
        return self.python_peak / (1024 * 1024)

    @property
    def jvm_mib(self) -> float:
        return self.jvm_peak / (1024 * 1024)
