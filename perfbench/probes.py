"""Outside-in probes: process-tree RSS, interference guard, layer spans.

Nothing here reaches into the engine. Memory comes from ``/proc``, job and
task counts from Spark's status tracker keyed by a job group set around
each call, rows and bytes from the files a layer wrote.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

# command-line fragments of processes that compete for this box's cores
FOREIGN_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pytest")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command line) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        # the command name field may hold spaces or parens: ppid follows
        # the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out[int(name)] = (ppid, cmd)
    return out


def process_tree(root: int, table: dict[int, tuple[int, str]] | None = None) -> set[int]:
    """``root`` and all its descendants."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, stack = set(), [root]
    while stack:
        pid = stack.pop()
        if pid not in tree:
            tree.add(pid)
            stack.extend(children.get(pid, ()))
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def foreign_procs(root: int | None = None) -> list[str]:
    """Command lines of Spark JVMs and pytest processes outside this
    process's own tree and ancestry: concurrent load that inflates single
    queries several-fold on a small box."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    mine = process_tree(root, table)
    pid = root
    while pid in table and pid not in (0, 1):
        mine.add(pid)
        pid = table[pid][0]
    return [cmd[:160] for p, (_, cmd) in table.items()
            if p not in mine and any(m in cmd for m in FOREIGN_MARKERS)]


def cpu_times() -> list[int]:
    """The box's CPU time by state, in clock ticks: the ``cpu`` line of
    /proc/stat (user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time between two ``cpu_times()`` snapshots
    that the hypervisor gave to other guests (steal): load from other
    tenants of the host, which slows every timing of the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) this process tree has used so far: its
    live processes plus the children they have reaped. Time the hypervisor
    gave to other guests (steal) is not charged to a process, so this
    moves far less with the host's load than wall time does."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def process_start_age() -> float:
    """Seconds since this process started (from /proc, so interpreter start
    and imports before any timer count too)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class TreeSampler:
    """Background sampler of the summed RSS of this process tree (driver
    Python, the JVM it launched, the JVM's Python workers). Also polls the
    interference guard every ``guard_every`` seconds while measuring."""

    def __init__(self, interval: float = 0.2, guard_every: float = 2.0) -> None:
        self.interval = interval
        self.guard_every = guard_every
        self.peak_kb = 0
        self.peak_detail: dict = {}
        self.foreign: set[str] = set()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def measuring(self, on: bool) -> None:
        """Only samples taken while measuring count towards the peak."""
        if on:
            self._active.set()
        else:
            self._active.clear()

    def _loop(self) -> None:
        root = os.getpid()
        last_guard = 0.0
        while not self._stop.wait(self.interval):
            if not self._active.is_set():
                continue
            table = _proc_table()
            rss = {p: _rss_kb(p) for p in process_tree(root, table)}
            total = sum(rss.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_detail = {"procs": len(rss), "largest_mb": max(rss.values()) / 1024}
            now = time.monotonic()
            if now - last_guard >= self.guard_every:
                last_guard = now
                self.foreign.update(foreign_procs(root))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def parquet_rows(path: str) -> int:
    """Row count of a written parquet directory from its footers (no Spark)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in sorted(os.listdir(path)) if f.endswith(".parquet")
    )


class Tracer:
    """In-memory spans around calls into the engine's public functions.

    A span sets a fresh Spark job group for its duration; on exit the
    status tracker gives the jobs, stages, tasks and failed tasks the call
    ran. Spans nest: the parent's group is restored when a child ends, so
    every job belongs to exactly one span. Spans are written out once, by
    ``dump``, when the benchmark ends."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str, trace_id: str, **labels) -> "_Span":
        return _Span(self, name, trace_id, labels)

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "tasks_failed": failed}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace_id: str, labels: dict) -> None:
        self.t = tracer
        sid = uuid.uuid4().hex[:12]
        self.rec = {"name": name, "trace_id": trace_id, "span_id": sid,
                    "group": f"perfbench-{sid}", "labels": dict(labels)}

    def __enter__(self) -> dict:
        parent = self.t._stack[-1] if self.t._stack else None
        self.rec["parent"] = parent["span_id"] if parent else None
        self.t._set_group(self.rec)
        self.t._stack.append(self.rec)
        self.rec["start"] = time.time()
        self._t0 = time.perf_counter()
        return self.rec

    def __exit__(self, exc_type, exc, tb) -> None:
        self.rec["dur"] = time.perf_counter() - self._t0
        self.rec["end"] = self.rec["start"] + self.rec["dur"]
        self.t._stack.pop()
        self.t._set_group(self.t._stack[-1] if self.t._stack else None)
        self.rec.update(self.t._counts(self.rec["group"]))
        self.rec["error"] = exc_type.__name__ if exc_type else None
        self.t.spans.append(self.rec)
