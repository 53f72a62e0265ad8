"""Measurement helpers: process-tree CPU and RSS from /proc, host steal
from /proc/stat, in-memory spans, and a StreamingQueryListener that
keeps every progress report (``recentProgress`` keeps only 100)."""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (0 for an empty sample)."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(rest[1])].append(int(name))
    return kids


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(command name, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, rest = f.read().rsplit(")", 1)
    except OSError:
        return None
    rest = rest.split()
    cpu = sum(int(x) for x in rest[11:15]) / _TICK  # utime stime cutime cstime
    return head.split("(", 1)[1], cpu, int(rest[21]) * _PAGE


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class ProcTree:
    """The JVM and every process below it (the Python workers)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_exe = _exe(jvm_pid)

    def sample(self) -> tuple[float, float, int]:
        """(jvm cpu s, worker cpu s, tree memory bytes): the JVM's RSS
        plus each Python worker's PSS. A child still running the java
        binary was spawned by a JVM thread and has not exec'd its helper
        yet: it shares the JVM's pages, so its memory is not added."""
        kids = _children()
        _, jvm_cpu, rss = _stat(self.jvm_pid) or ("", 0.0, 0)
        workers_cpu = 0.0
        stack = list(kids.get(self.jvm_pid, ()))
        while stack:
            pid = stack.pop()
            st = _stat(pid)
            if st is not None:
                workers_cpu += st[1]
                rss += 0 if _exe(pid) == self.jvm_exe else _pss(pid, st[2])
            stack.extend(kids.get(pid, ()))
        return jvm_cpu, workers_cpu, rss


def _pss(pid: int, rss: int) -> int:
    """Proportional set size: pages a forked Python worker shares with
    its daemon count once across them, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def _cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


class Meter:
    """Accumulates timed intervals: CPU of the process tree, host steal
    share, and the peak of the tree's memory sampled every 200 ms on a
    background thread."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak_rss = 0
        self.jvm_cpu_s = self.python_cpu_s = 0.0
        self.steal = self.total = 0

    @contextmanager
    def interval(self):
        stop = threading.Event()

        def poll():
            while not stop.wait(0.2):  # a sample reads all of /proc: ~3 ms
                self.peak_rss = max(self.peak_rss, self.tree.sample()[2])

        jvm0, py0, rss = self.tree.sample()
        self.peak_rss = max(self.peak_rss, rss)
        steal0, total0 = _cpu_times()
        thread = threading.Thread(target=poll, daemon=True)
        thread.start()
        try:
            yield
        finally:
            stop.set()
            thread.join()
            jvm1, py1, rss = self.tree.sample()
            self.peak_rss = max(self.peak_rss, rss)
            steal1, total1 = _cpu_times()
            self.jvm_cpu_s += jvm1 - jvm0
            self.python_cpu_s += py1 - py0
            self.steal += steal1 - steal0
            self.total += total1 - total0

    @property
    def steal_pct(self) -> float:
        return 100.0 * self.steal / max(1, self.total)

    @staticmethod
    def combined_steal_pct(meters) -> float:
        meters = list(meters)
        return 100.0 * sum(m.steal for m in meters) / max(1, sum(m.total for m in meters))


class Spans:
    """In-memory spans around the benchmark's calls into engine layers;
    nothing is written until ``durations`` is read at exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, t0, time.perf_counter()))

    def durations_ms(self, name: str) -> list[float]:
        return [(b - a) * 1e3 for n, a, b in self.records if n == name]


def progress_listener(reports: list, terminated: set):
    """A listener that appends every progress report (as a dict) to
    ``reports`` and every terminated query id to ``terminated``."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    lock = threading.Lock()

    class Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with lock:
                reports.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with lock:
                terminated.add(str(event.id))

    return Keep()


def gc_ms(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
    return float(sum(max(0, b.getCollectionTime()) for b in beans))
