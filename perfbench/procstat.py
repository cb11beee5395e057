"""Process-tree CPU and resident memory (PSS) read from /proc, plus the
host shape.

The benchmark's process tree is this Python process, the Spark driver JVM
it launched, and the JVM's Python workers.  CPU is summed over the live
tree as utime+stime plus the times of reaped children (cutime+cstime), so a
worker that exits between two readings still counts through its parent.
"""

from __future__ import annotations

import os
import shutil
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# seconds between two memory samples of PeakRss
_SAMPLE_S = 0.5


def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, cpu ticks incl. reaped children, comm) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; ppid is field 4 of stat, utime..cstime 14-17
    return (int(fields[1]), sum(int(x) for x in fields[11:15]), comm)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it, so the forked Python workers' shared
    pages count once in a sum over the tree.  Falls back to RSS where the
    kernel has no smaps_rollup."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        pass
    except OSError:
        return 0
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree(root: int | None = None) -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, cpu ticks, comm) for ``root`` and all its descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
    return keep


def tree_cpu_s() -> float:
    return sum(st[1] for st in tree().values()) / _TICK


def python_worker_cpu_s(jvm_pid: int | None) -> float:
    """CPU of the Python processes below the JVM (Spark's Python workers
    and their daemon); 0 when the JVM is unknown."""
    if jvm_pid is None:
        return 0.0
    return sum(st[1] for pid, st in tree(jvm_pid).items()
               if pid != jvm_pid and st[2].startswith("python")) / _TICK


def tree_pss_bytes() -> int:
    return sum(_pss_bytes(pid) for pid in tree())


class PeakRss:
    """Samples the tree's resident memory (summed PSS) on a background
    thread while active."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(_SAMPLE_S)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())


def _meminfo_bytes(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


class StealShare:
    """Share of the host's CPU time stolen by the hypervisor while active
    (the ``steal`` column of /proc/stat): on a shared virtual machine it
    tells a slow run on a busy host from a slow program."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return vals[7], sum(vals)

    def __enter__(self) -> "StealShare":
        self.share = 0.0
        self._start = self._read()
        return self

    def __exit__(self, *exc):
        steal, total = self._read()
        d_total = total - self._start[1]
        self.share = (steal - self._start[0]) / d_total if d_total else 0.0


def mem_total_bytes() -> int:
    return _meminfo_bytes("MemTotal")


def mem_available_bytes() -> int:
    return _meminfo_bytes("MemAvailable")


def host_shape(cores_used: int, work_dir: str) -> dict:
    import pyarrow
    import pyspark
    shm = shutil.disk_usage("/dev/shm").free if os.path.isdir("/dev/shm") else 0
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_total_bytes() // 2**20,
            "shm_free_mb": shm // 2**20,
            "work_free_mb": shutil.disk_usage(work_dir).free // 2**20,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "cores_used": cores_used}
