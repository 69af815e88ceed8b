"""What the benchmark reads from outside the program: latency statistics,
CPU of the process tree and retained memory from /proc and the JVM's
MemoryMXBean, Spark job/stage/task counts from SparkStatusTracker, and
spans kept in memory for the traced run."""

from __future__ import annotations

import gc
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
TAIL_BEYOND = 10  # the tail percentile leaves at least this many samples above it


def p50(samples: list[float]) -> float:
    return statistics.median(samples)


def tail(samples: list[float]) -> float:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it: the (n - TAIL_BEYOND)-th smallest sample. Needs n > 2 * TAIL_BEYOND
    for it to sit at or above the median."""
    s = sorted(samples)
    if len(s) <= TAIL_BEYOND:
        raise ValueError(f"{len(s)} samples: the tail needs more than {TAIL_BEYOND}")
    return s[len(s) - TAIL_BEYOND - 1]


def process_start_age_s() -> float:
    """Seconds since this process started (its /proc start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / HZ


# -- process tree --------------------------------------------------------------


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, own cpu ticks, reaped children's cpu ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = st[0]
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"python" in fh.read().split(b"\0", 1)[0]
    except OSError:
        return False


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE / 2**20
    except OSError:
        return 0.0


@dataclass
class TreeCpu:
    """CPU seconds used so far by this process and everything under it
    (reaped children included), split into the JVM and its Python workers."""

    total_s: float
    jvm_s: float
    pyworker_s: float


class ProcessTree:
    """The driver Python, the JVM it launched and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.me = os.getpid()
        self.jvm = jvm_pid

    def pyworkers(self) -> list[int]:
        return [p for p in descendants(self.jvm) if _is_python(p)]

    def cpu(self) -> TreeCpu:
        total = 0
        for pid in [self.me, *descendants(self.me)]:
            st = _stat(pid)
            if st:
                total += st[1] + st[2]
        jvm = _stat(self.jvm)
        workers = sum(st[1] + st[2] for st in map(_stat, self.pyworkers()) if st)
        return TreeCpu(total / HZ, (jvm[1] if jvm else 0) / HZ, workers / HZ)

    def python_rss_mb(self) -> tuple[float, float, int]:
        """(driver RSS, summed Python worker RSS, worker count)."""
        workers = self.pyworkers()
        return _rss_mb(self.me), sum(_rss_mb(p) for p in workers), len(workers)


def live_heap_mb(spark, max_rounds: int = 10) -> float:
    """JVM heap in use after full GCs, repeated until two successive
    readings agree within 1 MB. Python's collector runs first, so JVM
    objects that only unreachable py4j proxies still pinned are
    released; the pause after each GC lets Spark's ContextCleaner drop
    the blocks of RDDs that GC found unreachable."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    prev = None
    for _ in range(max_rounds):
        bean.gc()
        time.sleep(0.2)
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and abs(used - prev) < 1.0:
            return used
        prev = used
    return prev


def retained_mb(spark, tree: ProcessTree) -> dict[str, float]:
    heap = live_heap_mb(spark)
    driver, workers, n = tree.python_rss_mb()
    return {"retained_mb": heap + driver + workers, "live_heap_mb": heap,
            "driver_rss_mb": driver, "pyworker_rss_mb": workers, "pyworkers": n}


# -- Spark jobs -----------------------------------------------------------------


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st:
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "task_failures": failed}


# -- spans ------------------------------------------------------------------------


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int = -1  # index of the enclosing span, -1 for none


class Tracer:
    """Spans at the layer boundaries the benchmark calls across, kept in
    memory. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        self.spans.append(Span(layer, name, time.perf_counter(), parent=self._open[-1] if self._open else -1))
        self._open.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._open.pop()
            self.spans[sid].end = time.perf_counter()

    def add(self, layer: str, name: str, start: float, end: float, parent: int) -> None:
        if self.enabled:
            self.spans.append(Span(layer, name, start, end, parent))

    def innermost_at(self, t: float, root: int) -> int:
        """The deepest span under `root` (or root itself) open at time t."""
        best = root
        for sid in range(root + 1, len(self.spans)):
            s = self.spans[sid]
            if s.start <= t <= s.end and self._under(sid, best):
                best = sid
        return best

    def _under(self, sid: int, ancestor: int) -> bool:
        while sid != -1:
            if sid == ancestor:
                return True
            sid = self.spans[sid].parent
        return False

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for sid, s in enumerate(self.spans):
            covered, cur = 0.0, s.start
            for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end)) for c in children.get(sid, ())):
                if hi > max(lo, cur):
                    covered += hi - max(lo, cur)
                    cur = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out


def host_noise(before: dict, after: dict) -> dict:
    """Steal cores, external CPU and loadavg over a region, from
    bench.py's readers. `before`/`after` come from host_snapshot()."""
    import bench

    wall = max(after["t"] - before["t"], 1e-9)
    ext = bench._external_busy_sec(before["procs"], after["procs"])
    steal = after["steal"] - before["steal"]
    return {"steal_cores": steal / wall, "external_cpu_s": ext, "external_cores": ext / wall,
            "loadavg": list(os.getloadavg()), "nproc": os.cpu_count()}


def host_snapshot() -> dict:
    import bench

    return {"t": time.perf_counter(), "procs": bench._proc_cpu_snapshot(), "steal": bench._steal_sec()}
