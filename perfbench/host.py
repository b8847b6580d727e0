"""Host sampler reading ``/proc`` directly (no psutil).

While a benchmark session runs, a background thread samples

- the summed PSS of the session's process tree (driver Python, the JVM it
  launches and the JVM's Python workers),
- CPU steal and busy time from ``/proc/stat``,
- the 1-minute load average,

so a result can be told apart from a noisy-neighbour episode on the VM.
"""

from __future__ import annotations

import os
import threading


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # the process ended while /proc was walked


def _all_stats() -> dict[int, list[str]]:
    stats = {int(n): _stat(n) for n in os.listdir("/proc") if n.isdigit()}
    return {pid: fields for pid, fields in stats.items() if fields}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, fields in _all_stats().items():
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def tree_pids(root_pid: int) -> list[int]:
    kids = _children()
    todo, pids = [root_pid], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    return pids


def start_time(pid: int) -> str | None:
    """Start time of a live (non-zombie) process, which tells it apart from a
    later process given the same pid; None once it has ended."""
    fields = _stat(pid)
    return fields[19] if fields is not None and fields[0] != "Z" else None


def tree_pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: resident pages, each page shared by n
    processes counted 1/n per process, so forked workers are not counted
    once per worker."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass  # the process ended, or exposes no mappings
    return total_kb / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of a process tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root_pid):
        fields = _stat(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[3] + vals[4], vals[7]


class HostSampler:
    """Samples one process tree until :meth:`stop`; use as a context manager."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.seen: dict[int, str] = {}  # pid -> start time of every process the tree had
        self.peak_pss_mb = 0.0
        self.load_1m: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "HostSampler":
        self._cpu0 = _cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        self._cpu1 = _cpu_times()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            pids = tree_pids(self.root_pid)
            for pid in pids:
                if pid not in self.seen:
                    self.seen[pid] = start_time(pid)
            self.peak_pss_mb = max(self.peak_pss_mb, tree_pss_mb(pids))
            with open("/proc/loadavg") as f:
                self.load_1m.append(float(f.read().split()[0]))

    def summary(self) -> dict:
        total = max(1, self._cpu1[0] - self._cpu0[0])
        return {
            "peak_pss_mb": round(self.peak_pss_mb, 1),
            "cpu_busy_share": round(1 - (self._cpu1[1] - self._cpu0[1]) / total, 4),
            "cpu_steal_share": round((self._cpu1[2] - self._cpu0[2]) / total, 4),
            "load_1m_max": max(self.load_1m, default=0.0),
        }
