"""CPU time, memory and bytes read of a process tree, from ``/proc``.

The tree is the benchmark process and every descendant: the Spark driver
JVM, the PySpark daemon and its Python workers.  Machine-wide counters
(``/proc/stat``) would also count other tenants of the host.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:            # the process ended while we looked
        return None
    return raw[raw.rindex(b")") + 2:].decode().split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` plus its reaped children (cutime + cstime).

    Summed over a whole tree this counts a process that ended once: its
    time moves into its parent's cutime when the parent reaps it."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # stat fields 14-17 (1-based) sit at 11-14 here
    return sum(int(x) for x in fields[11:15]) / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it.  Summed over a tree it counts a
    forked worker's copy-on-write pages once, where RSS counts them once
    per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def read_bytes(pid: int) -> int:
    """Bytes ``pid`` has read through read-like system calls (files,
    sockets and pipes, page-cache hits included)."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_cpu_seconds(root: int | None = None) -> float:
    return sum(cpu_seconds(p) for p in descendants(root or os.getpid()))


def python_worker_cpu_seconds(root: int | None = None) -> float:
    """CPU of the PySpark daemon and its workers (the UDF side)."""
    return sum(cpu_seconds(p) for p in descendants(root or os.getpid())
               if "pyspark.daemon" in command(p)
               or "pyspark.worker" in command(p))


class MemorySampler:
    """Background thread that records the peak summed PSS of the tree.

    Use as a context manager; samples are taken only while ``active`` is
    set, every ``interval`` seconds (one ``/proc`` scan each).  ``peak``
    is in bytes."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(pss_bytes(p) for p in descendants(self.root))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.sample()

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
