"""Host and process facts read from /proc (``psutil`` is not available).

The peak-RSS sampler walks the process tree under the benchmark's own
process and sums the driver Python, the JVM that PySpark launches, the
PySpark daemon and every Python worker it forks.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), counted after ")"
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICKS


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> List[int]:
    """Host-wide CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def unstolen_share(before: List[int], after: List[int]) -> float:
    """busy / (busy + steal) between two ``cpu_ticks`` readings: the share
    of the CPU time this machine's processes were ready to use that the
    hypervisor gave them (1.0 on an idle host). A halted vCPU is not
    stolen from, so steal comes out of time that work was waiting to
    run; a wall time times this share estimates the wall time the same
    work takes when nothing is stolen."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] else 1.0


def _parent_map() -> Dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def process_tree(root: int) -> List[int]:
    """``root`` and all of its descendants."""
    children: Dict[int, List[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def command_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _status(pid: int):
    """(command name, parent pid, RSS bytes) from one read of
    /proc/<pid>/status, or None once the process has gone. The name
    changes at exec, so a forked child that has not exec'd yet still
    reads as its parent's program."""
    try:
        with open(f"/proc/{pid}/status") as f:
            fields = dict(line.split(":", 1) for line in f)
    except (OSError, ValueError):
        return None
    rss_kb = int(fields["VmRSS"].split()[0]) if "VmRSS" in fields else 0
    return fields["Name"].strip(), int(fields["PPid"]), rss_kb * 1024


def spark_processes(root: int) -> Dict[int, tuple]:
    """pid -> (kind, RSS bytes) for the processes a local Spark session
    consists of: the driver (``root``), the JVM it launched, the PySpark
    daemon the JVM starts and the workers the daemon forks. Other
    descendants are left out: the JVM's short-lived helper children
    share its pages until they exec and would count them twice."""
    out = {}
    for pid in process_tree(root):  # parents before children
        st = _status(pid)
        if st is None:
            continue
        name, ppid, rss = st
        parent = out.get(ppid, ("",))[0]
        if pid == root:
            kind = "driver"
        elif name == "java" and ppid == root:
            kind = "jvm"
        elif name.startswith("python") and parent == "jvm":
            kind = "python_daemon"
        elif name.startswith("python") and parent in ("python_daemon",
                                                       "python_worker"):
            kind = "python_worker"
        else:
            continue
        out[pid] = (kind, rss)
    return out


class PeakRssSampler:
    """Background thread recording the highest summed RSS of the Spark
    processes (``spark_processes``) between ``start`` and ``stop``, with
    the RSS and process count per kind at that peak, so a run shows the
    JVM and the Python workers were covered."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_kind: Dict[str, list] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = None

    def _sample(self) -> None:
        procs = spark_processes(os.getpid())
        total = sum(rss for _, rss in procs.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            by_kind: Dict[str, list] = {}
            for kind, rss in procs.values():
                entry = by_kind.setdefault(kind, [0, 0])
                entry[0] += rss // 2 ** 20
                entry[1] += 1
            self.peak_by_kind = by_kind  # kind -> [MB, processes]
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")


def wait_children_gone(timeout_s: float = 30.0) -> List[int]:
    """Block until this process has no live descendants (or the timeout
    passes); returns the pids still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in process_tree(os.getpid()) if p != os.getpid()
                 and is_live(p)]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def is_live(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:  # reap our own zombie children
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
