"""Measurement helpers: process-tree sampling from /proc, latency
summaries, job-group tagging and the Spark event-log reader used by the
traced run."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            data = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name (field 2) may contain spaces; fields after it are plain
    return data[data.rindex(")") + 2:].split()


CPU_PARTS = ("driver_python", "jvm", "python_workers")


class ProcTree:
    """The process tree rooted at this process — the driver Python, the
    JVM it launched and that JVM's Python workers — minus the subtrees of
    ``exclude`` (the load generator).  Inside ``with``, a sampler thread
    keeps the peak of the tree's summed resident memory."""

    INTERVAL = 0.1  # seconds between samples

    def __init__(self, exclude: tuple[int, ...] = ()):
        self.exclude = set(exclude)
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> dict[int, list[str]]:
        stats = {}
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
                    children[int(st[1])].append(int(name))  # field 4: ppid
        out, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in stats:
                continue
            out[pid] = stats[pid]
            todo.extend(children[pid])
        return out

    def cpu_parts(self) -> dict[str, float]:
        """CPU seconds used so far (user + system) by the driver Python,
        the JVM and the Python workers; the CPU of reaped children counts
        with the workers."""
        parts = dict.fromkeys(CPU_PARTS, 0.0)
        for pid, st in self.members().items():
            own = (int(st[11]) + int(st[12])) / _TICK
            parts["python_workers"] += (int(st[13]) + int(st[14])) / _TICK
            if pid == os.getpid():
                parts["driver_python"] += own
            elif _comm(pid) == "java":
                parts["jvm"] += own
            else:
                parts["python_workers"] += own
        return parts

    def rss(self) -> int:
        """Summed resident memory of the tree now, in bytes."""
        return sum(int(st[21]) for st in self.members().values()) * _PAGE

    def _sample(self, prev: set[int]) -> set[int]:
        members = self.members()
        # a process counts once it has lived through two samples: a child
        # caught between fork and exec reports its parent's whole RSS
        rss = sum(int(st[21]) for pid, st in members.items() if pid in prev) * _PAGE
        self.peak_rss = max(self.peak_rss, rss)
        return set(members)

    def _run(self):
        prev: set[int] = set()
        while not self._stop.is_set():
            prev = self._sample(prev)
            self._stop.wait(self.INTERVAL)
        self._sample(prev)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *_exc):
        self._stop.set()
        self._thread.join()


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    vCPUs had work (all CPUs, since boot).  The difference over a window
    shows whether the host, not the program, slowed that window down."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


def jvm_counters(sc) -> dict[str, float]:
    """Seconds the JVM has spent compiling (JIT) and collecting garbage,
    from its management beans."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return {
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
    }


# time for G1 to hand the heap it shrank after a full collection back to
# the OS (it uncommits concurrently)
SETTLE_S = 1.0


def settled_rss_mb(tree: ProcTree, sc) -> float:
    """Resident memory of the tree after a full garbage collection, in MB.
    Without a pinned heap, peak RSS reads how far G1 happened to grow the
    heap (2.4-4.3 GB over dashboard runs on a 4-vCPU host); after a full
    collection the JVM keeps what the program still references, plus its
    code and class metadata, and the Python processes keep what they
    hold."""
    sc._jvm.java.lang.System.gc()
    time.sleep(SETTLE_S)
    return tree.rss() / 2**20


TAIL_PCT = 90.0


def tail(samples: list[float]) -> tuple[float, int]:
    """(nearest-rank p90, samples above it).  A run times 3-7 poll cycles
    or 8-16 panel queries, too few for a percentile with ten samples
    beyond it; the percentile is fixed, not chosen by sample count, so
    the metric keeps its meaning when the op count per run changes."""
    s = sorted(samples)
    i = max(0, math.ceil(TAIL_PCT / 100 * len(s)) - 1)
    return s[i], len(s) - 1 - i


def median(samples: list[float]) -> float:
    return statistics.median(samples)


@contextmanager
def job_group(sc, name: str):
    """Tag every Spark job started by this thread inside the block with
    ``spark.jobGroup.id = name``; the previous group is restored after."""
    old = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", old)


@contextmanager
def timed(into: dict, key: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        into[key] = into.get(key, 0.0) + time.perf_counter() - t0


# per-op Spark counters of the traced run: metric -> JobStats field
SPARK_PER_OP = {
    "spark.jobs_per_op": "jobs",
    "spark.tasks_per_op": "tasks",
    "spark.shuffle_mb_per_op": "shuffle_mb",
    "spark.gc_s_per_op": "gc_s",
    "spark.executor_cpu_s_per_op": "cpu_s",
}


class JobStats(dict):
    """Per job group: jobs, tasks, executor CPU and GC seconds, shuffle
    read + write, spill and input megabytes."""

    FIELDS = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "input_mb")

    def __missing__(self, key):
        self[key] = dict.fromkeys(self.FIELDS, 0.0)
        return self[key]


def read_event_log(log_dir: str) -> JobStats:
    """Sum task metrics per job group from the (uncompressed) Spark event
    log files under ``log_dir``."""
    stage_group: dict[int, str] = {}
    stats = JobStats()
    mb = 1 / 2**20
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stats[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = stats[stage_group.get(ev["Stage ID"], "")]
                    g["tasks"] += 1
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    g["shuffle_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    ) * mb
                    g["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) * mb
                    g["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) * mb
    return stats


def rounded(stats: JobStats, groups) -> dict:
    """The named groups' totals, for the detail line."""
    return {g: {k: round(v, 4) for k, v in stats[g].items()} for g in groups}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
