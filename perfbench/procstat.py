"""Process-tree CPU, RSS and steal from ``/proc`` (no psutil).

The tree is this process and every descendant: the Spark JVM it launched,
the ``pyspark.daemon`` under the JVM and the Python workers the daemon
forks. CPU of a process is ``utime + stime``; ``cutime + cstime`` adds the
CPU of exited children its owner has reaped, so workers that come and go
inside a section are still counted. A sampler thread polls RSS to catch
the tree's peak.

``cpus_awake()`` keeps every CPU of the run busy with an idle-priority
spinner; the spinners are left out of the tree.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

IGNORED: set[int] = set()  # pids left out of tree(): the spinners

# One CPU, SCHED_IDLE (any other runnable thread preempts it at once), and
# it exits by itself when its parent is gone.
_SPIN = """\
import os, sys
os.sched_setaffinity(0, {int(sys.argv[1])})
try:
    os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
except OSError:
    os.nice(19)
parent = os.getppid()
while os.getppid() == parent:
    for _ in range(100_000):
        pass
"""


@contextmanager
def cpus_awake():
    """Keep each CPU of this process's affinity set from going idle.

    On a virtual machine an idle vCPU halts, and waking it waits for the
    host to schedule it again; the host counts that wait as steal. A crawl
    round is thousands of short waits (Spark jobs and tasks, Py4J calls,
    Python workers), so that latency multiplies: on a shared 4-vCPU VM the
    same round → retract → round episode ran 20-45 s as the host's load
    changed, with 0.2-22% steal. With a SCHED_IDLE spinner on every CPU
    nothing halts, the program's threads preempt the spinners inside the
    guest, and while the host was quiet steal stayed under 0.5% and the
    episode ran 20-25 s. A busy host still takes its share of the CPUs'
    time; the benchmark reports times net of that steal."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _SPIN, str(c)],
                         stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
        for c in sorted(os.sched_getaffinity(0))
    ]
    IGNORED.update(p.pid for p in procs)
    try:
        yield
    finally:
        for p in procs:
            p.kill()
        for p in procs:
            p.wait()
        IGNORED.difference_update(p.pid for p in procs)


def _stat(pid: int) -> tuple[str, int, float, float, int] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm, 0-based: 1 ppid, 11 utime, 12 stime, 13 cutime,
    # 14 cstime, 21 rss (pages)
    return (
        comm,
        int(f[1]),
        (int(f[11]) + int(f[12])) / _TICK,
        (int(f[13]) + int(f[14])) / _TICK,
        int(f[21]) * _PAGE,
    )


def tree() -> dict[int, tuple]:
    """pid → stat for this process and all its descendants, without the
    ``IGNORED`` ones."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    root = os.getpid()
    kids: dict[int, list[int]] = {}
    for pid, s in stats.items():
        kids.setdefault(s[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in IGNORED:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_split() -> dict[str, float]:
    """Cumulative CPU seconds of the tree, and of its two big parts: the
    JVM, and the Python workers (the daemon subtree under the JVM)."""
    t = tree()
    jvm = [p for p, s in t.items() if s[0] == "java"]
    workers: set[int] = set()
    for j in jvm:
        todo = [p for p, s in t.items() if s[1] == j]
        while todo:
            p = todo.pop()
            workers.add(p)
            todo.extend(q for q, s in t.items() if s[1] == p)
    total = sum(s[2] + s[3] for s in t.values())
    return {
        "total": total,
        "jvm": sum(t[p][2] for p in jvm),
        "python": sum(t[p][2] + t[p][3] for p in workers),
    }


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the machine's CPU time between two ``steal_ticks()``
    readings that the hypervisor gave to other tenants."""
    return (b[0] - a[0]) / max(1, b[1] - a[1])


class Section:
    """Accumulates the timed parts of a run: wall time, tree CPU by part,
    steal% and tree RSS. Only code inside ``with section.active():``
    counts; a daemon thread polls RSS every ``period`` seconds while a
    part is active. ``split()`` closes one operation's RSS window, so
    ``op_peaks`` holds each timed operation's peak. Use as a context
    manager to start and stop polling."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.wall = 0.0
        self.cpu = {"total": 0.0, "jvm": 0.0, "python": 0.0}
        self.op_peaks: list[int] = []
        self._peak = 0
        self._steal = [0, 0]
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self.period) and not self._stop.is_set():
                rss = sum(s[4] for s in tree().values())
                if self._on.is_set():
                    self._peak = max(self._peak, rss)
                self._stop.wait(self.period)

    def __enter__(self) -> "Section":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._on.set()  # release a poll waiting for the next active part
        self._thread.join()

    def split(self) -> None:
        """End the current operation's RSS window."""
        if self._peak:
            self.op_peaks.append(self._peak)
        self._peak = 0

    @contextmanager
    def active(self):
        cpu0, (st0, tt0) = cpu_split(), steal_ticks()
        t0 = time.perf_counter()
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.split()
            self.wall += time.perf_counter() - t0
            cpu1, (st1, tt1) = cpu_split(), steal_ticks()
            for k in self.cpu:
                self.cpu[k] += cpu1[k] - cpu0[k]
            self._steal[0] += st1 - st0
            self._steal[1] += tt1 - tt0

    @property
    def steal_pct(self) -> float:
        return 100.0 * self._steal[0] / max(1, self._steal[1])
