"""Measuring each layer from outside the package.

- ``Tracer``: spans (name, start, end, parent, op id) around the
  benchmark's own calls into a layer's public functions, kept in memory
  and written out at the end. Self time = span time minus child spans.
- ``SparkLayer``: per job group, stage metrics from Spark's status store
  (works with ``spark.ui.enabled=false``).
- ``ProcTree``: CPU seconds and RSS of this process, the JVM, the Python
  workers and the PostgreSQL server, read from ``/proc``.
- ``HostStamp``: parallelism, nproc, loadavg and steal.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Nested spans. Disabled tracers cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        self.overhead_s = 0.0

    @contextmanager
    def op(self, op_id: str):
        saved, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = saved

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "op": self._op, "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time (own time minus direct children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


class SparkLayer:
    """Stage metrics per job group, read from the live status store."""

    FIELDS = ("jobs", "stages", "tasks", "sched_gap_s", "executor_run_s", "executor_cpu_s",
              "shuffle_write_mb", "shuffle_read_mb", "input_records", "jvm_gc_s")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run one action under a fresh job group; yields a dict that is
        filled with the group's stage metrics after the block."""
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        out: dict = {}
        t0 = time.time()
        try:
            yield out
        finally:
            t1 = time.time()
            self.sc._jsc.clearJobGroup()
            out.update(self.read(gid, t0, t1))

    def read(self, gid: str, t0: float, t1: float) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(self.FIELDS, 0.0)
        m["jobs"] = len(jobs)
        intervals = []
        for sid in sorted(stage_ids):
            try:
                seq = self._store.stageData(sid, False, None, False, None)
            except Py4JJavaError:
                continue  # the store already dropped this stage
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                m["executor_run_s"] += sd.executorRunTime() / 1e3
                m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                m["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                m["input_records"] += sd.inputRecords()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined():
                    start = sub.get().getTime() / 1e3
                    end = done.get().getTime() / 1e3 if done.isDefined() else t1
                    intervals.append((max(start, t0), min(end, t1)))
        m["sched_gap_s"] = max(0.0, (t1 - t0) - _union(intervals))
        return m

    def cached_mb(self) -> float:
        """Storage memory in use across executors (cached blocks, broadcasts)."""
        status = self.sc._jsc.sc().getExecutorMemoryStatus()
        it = status.values().iterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        return used / 2**20


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _stat(pid: int):
    """(ppid, comm, own cpu ticks, reaped-children cpu ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    return int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The benchmark's process tree: this process, its JVM, the JVM's
    Python workers, and the PostgreSQL server (which pg_ctl detaches)."""

    ROLES = ("driver_py", "jvm", "py_worker", "pg_server")

    def __init__(self, pg_data_dir: str | None = None):
        self.me = os.getpid()
        self.pg_data_dir = pg_data_dir

    def _pg_root(self) -> int | None:
        if not self.pg_data_dir:
            return None
        try:
            with open(os.path.join(self.pg_data_dir, "postmaster.pid")) as fh:
                return int(fh.readline())
        except (OSError, ValueError):
            return None

    def members(self) -> dict[int, str]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids = defaultdict(list)
        for pid, st in stats.items():
            kids[st[0]].append(pid)
        roles = {self.me: "driver_py"}

        def walk(pid, role):
            for c in kids.get(pid, ()):
                r = role
                if role == "driver_py":
                    r = "jvm" if stats[c][1] == "java" else "driver_py"
                elif role == "jvm" and stats[c][1] != "java":
                    r = "py_worker"
                roles[c] = r
                walk(c, r)

        walk(self.me, "driver_py")
        root = self._pg_root()
        if root in stats:
            roles[root] = "pg_server"
            walk_pg = [root]
            while walk_pg:
                for c in kids.get(walk_pg.pop(), ()):
                    roles[c] = "pg_server"
                    walk_pg.append(c)
        self._stats = stats
        return roles

    def cpu(self) -> dict[str, float]:
        """CPU seconds per role. A process's reaped children are counted
        through its own cutime/cstime, so exits between samples keep the
        sums continuous. This process's own figure excludes its JVM."""
        roles = self.members()
        out = dict.fromkeys(self.ROLES, 0.0)
        for pid, role in roles.items():
            _, comm, own, reaped = self._stats[pid]
            if role in ("driver_py", "jvm"):
                out[role] += own / _TICK
            else:
                out[role] += (own + reaped) / _TICK
        return out

    def peak_rss_mb(self) -> dict[str, float]:
        """Per role, the sum of each live member's peak RSS (VmHWM)."""
        out = dict.fromkeys(self.ROLES, 0.0)
        for pid, role in self.members().items():
            out[role] += _hwm_kb(pid) / 1024
        return out


class HostStamp:
    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.loadavg_start = os.getloadavg()
        self._snap = _cpu_snap()
        self.steal_pct: list[float] = []

    def pass_done(self) -> None:
        snap = _cpu_snap()
        dtot = snap[1] - self._snap[1]
        if dtot > 0:
            self.steal_pct.append(round(100.0 * (snap[0] - self._snap[0]) / dtot, 2))
        self._snap = snap

    def stamp(self, spark) -> dict:
        return {
            "default_parallelism": spark.sparkContext.defaultParallelism if spark else None,
            "master": spark.sparkContext.master if spark else None,
            "nproc": self.nproc,
            "loadavg_start": self.loadavg_start,
            "loadavg_end": os.getloadavg(),
            "steal_pct_per_pass": self.steal_pct,
        }


def _cpu_snap() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)
