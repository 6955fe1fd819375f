"""Resource readings from ``/proc``, taken without any tracing: CPU
seconds of a process tree and peak resident memory (``VmHWM``)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name (which may hold
    spaces), starting with the state letter; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds including reaped children) of one process."""
    f = _fields(pid)
    if f is None:
        return None
    ppid = int(f[1])
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _tree(root: int) -> dict[int, float]:
    """{pid: CPU seconds} for ``root`` and all its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its live descendants
    (here: the driver Python, the JVM and the Python workers). Children
    that already exited are counted through their parent's reaped-child
    times."""
    return sum(_tree(root).values())


def descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root) if pid != root]


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for processes this process did not fork (the JVM's Python
    workers) to exit after their parent has; kill any that linger."""
    import signal
    import time

    def running(pid: int) -> bool:
        f = _fields(pid)
        return f is not None and f[0] != "Z"

    deadline = time.time() + timeout_s
    alive = [p for p in pids if running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def vm_hwm_mb(pid: int) -> float | None:
    """Peak resident set size of ``pid`` in MB, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


class HwmWatcher:
    """Keeps the last ``VmHWM`` reading of a process, so its peak is
    still known after the kernel kills it."""

    def __init__(self, pid: int, interval_s: float = 0.5) -> None:
        self.pid = pid
        self.last = vm_hwm_mb(pid) or 0.0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, name="hwm-watch", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            v = vm_hwm_mb(self.pid)
            if v is None:
                return
            self.last = max(self.last, v)

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        v = vm_hwm_mb(self.pid)
        if v is not None:
            self.last = max(self.last, v)
        return self.last


def steal_seconds() -> float:
    """CPU time the hypervisor has withheld from this machine's CPUs so
    far, summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"cpus": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem_kb / 1024 / 1024, 1)}
