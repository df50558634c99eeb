"""Process-tree sampler that reads ``/proc`` directly (no psutil).

A background thread walks the descendants of one root process every
``interval`` seconds and keeps, per process class, the CPU seconds each
pid has used and the summed resident memory of the whole tree (PSS for
the Python workers, so pages they share with the daemon they were
forked from count once). The classes are the program's parts: ``jvm``
(the Spark JVM), ``pyworker`` (Python workers started by the JVM) and
``driver`` (the driver Python). Host CPU steal and load average are read
from ``/proc/stat`` and ``/proc/loadavg`` at window edges so a noisy run
can be told apart from a slow program.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return None


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, comm, cpu seconds, rss bytes) of one pid, or None if gone."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may hold spaces and parens: split on the LAST ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    f = rest.split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 ... rss=21
    ppid, utime, stime, rss = int(f[1]), int(f[11]), int(f[12]), int(f[21])
    return ppid, comm, (utime + stime) / _TICK, rss * _PAGE


def _pss(pid: int) -> int | None:
    """Proportional set size in bytes: resident pages, shared ones split
    between the processes sharing them (forked Python workers share
    most of their pages with the daemon they were forked from)."""
    raw = _read(f"/proc/{pid}/smaps_rollup")
    for line in (raw or "").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return None


def _classify(comm: str, parent_class: str | None) -> str:
    """``helper`` marks the JVM's short-lived non-Python children (forked
    shell and file-system helpers): before their exec they share the
    JVM's pages, so their RSS would count the JVM twice. Their CPU is
    booked to the JVM."""
    if parent_class in ("jvm", "pyworker", "helper"):
        return "pyworker" if comm.startswith(("python", "pyspark")) else "helper"
    return "jvm" if comm == "java" else "driver"


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line of /proc/stat."""
    fields = (_read("/proc/stat") or "cpu 0").splitlines()[0].split()
    vals = [int(v) for v in fields[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def loadavg() -> float:
    raw = _read("/proc/loadavg")
    return float(raw.split()[0]) if raw else 0.0


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for child in _pids():
        st = _stat(child)
        if st is not None:
            children.setdefault(st[0], []).append(child)
    out, stack = set(), [pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.add(c)
            stack.append(c)
    return out


def wait_gone(pids: set[int], timeout: float) -> bool:
    """Wait until none of ``pids`` is running (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _alive(pid: int) -> bool:
    raw = _read(f"/proc/{pid}/stat")
    return raw is not None and raw.rpartition(")")[2].split()[0] != "Z"


def _pids() -> list[int]:
    return [int(n) for n in os.listdir("/proc") if n.isdigit()]


class TreeSampler:
    """Samples the process tree under ``root_pid`` until stopped.

    ``mark()`` starts a measurement window: CPU is reported as the
    growth since the mark, peak RSS as the largest tree sum seen since
    it. Call ``window()`` to read both for the window so far.
    """

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu: dict[int, tuple[str, float]] = {}  # pid -> (class, cpu s)
        self._base: dict[int, float] = {}
        self._peak_rss = 0
        self._peak_split: dict[str, int] = {}
        self._mark_t = time.monotonic()
        self._host0 = host_cpu()
        self._load0 = loadavg()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(target=self._run, name="procstat", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        procs: dict[int, tuple[int, str, float, int]] = {}
        for pid in _pids():
            st = _stat(pid)
            if st is not None:
                procs[pid] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in procs.items():
            children.setdefault(ppid, []).append(pid)
        rss_by_class = {"jvm": 0, "pyworker": 0, "driver": 0}
        seen: dict[int, tuple[str, float]] = {}
        stack = [(self.root_pid, None)] if self.root_pid in procs else []
        while stack:
            pid, parent_class = stack.pop()
            _, comm, cpu, rss = procs[pid]
            cls = _classify(comm, parent_class)
            seen[pid] = (cls, cpu)
            if cls == "pyworker":  # forked from one daemon: count shared pages once
                pss = _pss(pid)
                rss_by_class[cls] += rss if pss is None else pss
            elif cls != "helper":
                rss_by_class[cls] += rss
            stack.extend((c, cls) for c in children.get(pid, ()))
        with self._lock:
            self._cpu.update(seen)  # exited pids keep their last reading
            total = sum(rss_by_class.values())
            if total > self._peak_rss:
                self._peak_rss, self._peak_split = total, rss_by_class

    def mark(self) -> None:
        self.sample()
        with self._lock:
            self._base = {pid: cpu for pid, (_, cpu) in self._cpu.items()}
            self._peak_rss = 0
            self._peak_split = {}
            self._mark_t = time.monotonic()
            self._host0 = host_cpu()
            self._load0 = loadavg()
        self.sample()

    def window(self) -> dict:
        """CPU seconds per class and peak tree RSS since ``mark()``, plus
        host steal % and load average over the same window."""
        self.sample()
        with self._lock:
            cpu = {"jvm": 0.0, "pyworker": 0.0, "driver": 0.0}
            for pid, (cls, c) in self._cpu.items():
                cpu["jvm" if cls == "helper" else cls] += c - self._base.get(pid, 0.0)
            steal1, total1 = host_cpu()
            dt = total1 - self._host0[1]
            return {
                "cpu_s": cpu,
                "peak_rss_mb": self._peak_rss / 2**20,
                "peak_rss_split_mb": {k: v / 2**20 for k, v in self._peak_split.items()},
                "wall_s": time.monotonic() - self._mark_t,
                "steal_pct": 100.0 * (steal1 - self._host0[0]) / dt if dt > 0 else 0.0,
                "loadavg_start": self._load0,
                "loadavg_end": loadavg(),
            }
