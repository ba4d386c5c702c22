"""Measurement from outside the package: spans, job groups, Spark's
StatusTracker, lake directory walks and the event-log reduction.

Nothing here edits the package. In a traced run, public methods of the
objects the benchmark owns (its ``Lake`` instance) and the few module
functions it calls are wrapped at runtime so each call becomes a span;
an untraced run calls the package directly.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def driver_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, read from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the driver JVM and Spark's Python workers. Exited children count
    through their parent's cutime/cstime. Stolen time on a shared host
    is not in it, unlike wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed
            continue
        # after the command: state, ppid, ... utime (12), stime, cutime, cstime
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
    return sum(stats[p][1] for p in tree if p in stats) / tick


def driver_heap_live_mb(spark) -> float:
    """Driver JVM heap in use after a full collection: what the workload
    left resident (caches, broadcast blocks, plan and file metadata)."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def jvm_gc_ms(spark) -> float:
    """Total collection time of the driver JVM so far. In local mode the
    executors' tasks run in this JVM too, so their GC is in it."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def walk_files(root: str) -> dict[str, int]:
    """{path: bytes} of the data files under ``root``, Spark's hidden
    files excluded."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            path = os.path.join(dirpath, f)
            out[path] = os.path.getsize(path)
    return out


class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory.

    Each span runs under its own Spark job group, set and cleared in
    try/finally so a raising call cannot mislabel later jobs; nested
    spans restore the enclosing span's group on exit. Job, stage and task
    counts come from the StatusTracker right after the span closes."""

    def __init__(self, spark, active: bool):
        self.sc = spark.sparkContext
        self.active = active  # a traced run: wrappers are installed
        self.enabled = False  # spans are being recorded right now
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            **attrs,
        }
        self.spans.append(rec)
        group = f"svcbench-{rec['id']}"
        saved = [self.sc.getLocalProperty(p) for p in _JOB_PROPS]
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            for prop, value in zip(_JOB_PROPS, saved):
                self.sc.setLocalProperty(prop, value)
            self._count_jobs(rec, group)

    def _count_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stages += 1
                sinfo = tracker.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        rec.update(group=group, jobs=len(jobs), stages=stages, tasks=tasks)

    def wrap(self, fn, name: str, walk=None):
        """``fn`` wrapped in a span; ``walk(args, kwargs)`` names a lake
        directory to walk before and after the call. The commit's size is
        the files and bytes at paths the call created: an append's new
        files, or a rewrite's new version directory (the files it
        deletes do not offset them)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            root = walk(args, kwargs) if walk else None
            before = walk_files(root) if root else None
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if root:
                added = {p: b for p, b in walk_files(root).items() if p not in before}
                rec["files_added"] = len(added)
                rec["bytes_added"] = sum(added.values())
            return out

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")

    # ---------------------------------------------------------- queries --
    def descendants(self, rec: dict) -> list[dict]:
        """``rec`` and every span nested under it."""
        out, frontier = [rec], {rec["id"]}
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]


def _interval_union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reduce_event_log(path: str) -> dict[str, dict]:
    """Per job group: job intervals and summed task metrics, from an
    uncompressed, non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(g: str) -> dict:
        return groups.setdefault(
            g,
            {"intervals": [], "task_cpu_ms": 0.0, "task_gc_ms": 0.0,
             "task_run_ms": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0},
        )

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                jobs[ev["Job ID"]] = {"group": g, "start": ev["Submission Time"]}
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    grp(j["group"])["intervals"].append(
                        (j["start"], ev["Completion Time"])
                    )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                r = grp(g)
                r["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                r["task_gc_ms"] += m.get("JVM GC Time", 0)
                r["task_run_ms"] += m.get("Executor Run Time", 0)
                r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return groups


def span_layers(tracer: Tracer, rec: dict, groups: dict[str, dict]) -> dict:
    """The event-log record of one span, its nested spans included:
    job span, driver gap (wall minus the union of job intervals), task
    CPU/GC, shuffle write and spill."""
    intervals: list[tuple[int, int]] = []
    out = {"task_cpu_s": 0.0, "task_gc_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    for s in tracer.descendants(rec):
        g = groups.get(s.get("group"))
        if not g:
            continue
        intervals.extend(g["intervals"])
        out["task_cpu_s"] += g["task_cpu_ms"] / 1e3
        out["task_gc_s"] += g["task_gc_ms"] / 1e3
        out["shuffle_write_bytes"] += g["shuffle_write_bytes"]
        out["spill_bytes"] += g["spill_bytes"]
    wall = rec["end"] - rec["start"]
    job_span = _interval_union_ms(intervals) / 1e3
    out["job_span_s"] = job_span
    out["driver_gap_s"] = max(wall - job_span, 0.0)
    return out


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default
