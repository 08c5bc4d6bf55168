"""Host probes read from /proc: contention around a run and the peak
resident memory of the benchmark's process tree (driver JVM plus Python
workers)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:  # utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _cpu_s() -> tuple[float, float]:
    """Machine-wide (busy, steal) CPU seconds. Steal is time the
    hypervisor ran another guest while this one had work."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Contention:
    """Load, free memory, the CPU time other processes used and the time
    the hypervisor stole while the benchmark ran; a noisy run is visible
    from these alone."""

    def __init__(self) -> None:
        self._t0 = time.monotonic()
        self._busy0, self._steal0 = _cpu_s()
        self._own0 = _tree_cpu_s(os.getpid())
        self.before = self._snapshot()

    @staticmethod
    def _snapshot() -> dict:
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
        return {"loadavg": load, "mem_available_mb": round(_meminfo_mb("MemAvailable"), 1)}

    def report(self) -> dict:
        wall = time.monotonic() - self._t0
        own = _tree_cpu_s(os.getpid()) - self._own0
        busy, steal = _cpu_s()
        other = max(0.0, busy - self._busy0 - own)
        return {
            "before": self.before,
            "after": self._snapshot(),
            "wall_s": round(wall, 3),
            "own_cpu_s": round(own, 2),
            "other_cpu_cores": round(other / wall, 3),
            "steal_cores": round((steal - self._steal0) / wall, 3),
        }


class PeakRss:
    """Samples the summed RSS of this process's descendants (the JVM and
    its Python workers) every INTERVAL seconds while active."""

    INTERVAL = 0.2

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        me = os.getpid()
        total = 0
        for pid in tree_pids(me):
            if pid == me:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except OSError:
                pass
        self.peak_mb = max(self.peak_mb, total * _PAGE / 2**20)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
